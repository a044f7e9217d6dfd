"""Statistical mining operators: collocation PMI, market-basket lift,
concentration (Gini), autocorrelation, and robust (median/MAD) anomaly
flags.

All five follow the repo's cross-engine exactness discipline (SURVEY.md
§5): counts and sufficient statistics accumulate as BIGINTs (associative,
order-independent under distributed aggregation); the one floating-point
step per key is a single division / log / sqrt of EXACT integers with
identical expression structure in both engines, floored to e6 fixed-point
so a last-ulp divergence cannot flip the hash.

Scale shapes (100 TB): every key is one or two key-partitioned shuffles
over the fact table plus a broadcast of a vocabulary-/calendar-bounded
model table (unigram counts, brand totals, per-type medians). Nothing is
all-pairs: the basket self-join fans out per-order (bounded by the brand
count), and the PMI join probes a broadcast unigram table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions import models
from data_ingestion_service_spark.functions.text import shingle_rows
from data_ingestion_service_spark.registry import register
from data_ingestion_service_spark.session import call_persisted

# ---------------------------------------------------------------------------
# q_pmi_collocations — top bigram collocations by pointwise mutual
# information: PMI(x,y) = log2( P(x,y) / (P(x)P(y)) ) with P(x,y) from
# the bigram table and P(x) from the unigram table. The classic corpus-
# statistics pass behind phrase detection and tokenizer pre-merging
# (word2vec's phrase pass, Mikolov et al. use the same ratio).
#
# Exactness: all four counts are exact BIGINTs; the ratio is computed as
# (n_xy/B) * (N/n_x) * (N/n_y) with identical parenthesization in both
# engines — each factor is a correctly-rounded double quotient of exact
# integers (all < 2^53), the product order is fixed, and the single log2
# result is floored to e6.
#
# Scale: two count shuffles (bigrams, unigrams); the unigram model is
# vocabulary-bounded and broadcast into the bigram stream twice (w1, w2);
# top-100 is TakeOrderedAndProject. A 100 TB corpus changes the count
# magnitudes, not the plan.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5

_PMI_ORACLE = f"""
WITH uni AS (
  SELECT t AS w, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY t
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(n) - count(*) AS BIGINT) AS n_bigrams_ub
  FROM uni
),
bi AS (
  SELECT bg, count(*) AS n_xy
  FROM (
    SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg
    FROM (SELECT string_split(text, ' ') AS t FROM documents)
    CROSS JOIN unnest(range(1, len(t))) AS u(i)
    WHERE len(t) >= 2
  )
  GROUP BY bg
),
btot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS b_tot FROM bi)
SELECT bg, n_xy,
       CAST(floor(log2(
         ((n_xy * 1.0 / b_tot))
         * ((n_tokens * 1.0 / u1.n) * (n_tokens * 1.0 / u2.n))
       ) * 1000000) AS BIGINT) AS pmi_e6
FROM bi
CROSS JOIN btot CROSS JOIN tot
JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]
WHERE n_xy >= {_PMI_MIN_COUNT}
ORDER BY pmi_e6 DESC, bg
LIMIT 100
"""


@register("q_pmi_collocations", oracle=_PMI_ORACLE)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = uni.agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("n_bigrams_ub"),
    )
    bi = (
        shingle_rows(docs, 2)
        .groupBy(F.col("shingle").alias("bg"))
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    btot = bi.agg(F.sum("n_xy").cast("bigint").alias("b_tot"))
    w1 = F.split(F.col("bg"), " ")[0]
    w2 = F.split(F.col("bg"), " ")[1]
    u1 = uni.select(F.col("w").alias("w1k"), F.col("n").alias("n_x"))
    u2 = uni.select(F.col("w").alias("w2k"), F.col("n").alias("n_y"))
    ratio = (F.col("n_xy") * 1.0 / F.col("b_tot")) * (
        (F.col("n_tokens") * 1.0 / F.col("n_x"))
        * (F.col("n_tokens") * 1.0 / F.col("n_y"))
    )
    return (
        bi.filter(F.col("n_xy") >= _PMI_MIN_COUNT)
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(u1), w1 == F.col("w1k"))
        .join(F.broadcast(u2), w2 == F.col("w2k"))
        .select(
            "bg",
            "n_xy",
            F.floor(F.log2(ratio) * 1000000).cast("bigint").alias("pmi_e6"),
        )
        .orderBy(F.desc("pmi_e6"), F.asc("bg"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q_market_basket — brand co-purchase association rules over orders:
# support and lift for every brand pair appearing in the same order.
# lift(a,b) = P(a,b) / (P(a)P(b)) over the order universe — the
# Agrawal/Srikant frequent-itemset statistics at the pair level, the
# shape recommendation candidates start from.
#
# Basket fanout is bounded by construction: an order holds at most 25
# distinct brands, so the within-order pair join emits O(brands²) rows
# per order — a constant — never a corpus-sized cross product. Brand
# order-counts (≤25 rows) broadcast into the pair stream. Lift's two
# quotients are doubles of exact BIGINTs with fixed structure, e6-floored.
# ---------------------------------------------------------------------------

# Oracle-side pair generation mirrors the engine's posting-list shape
# (unnest + list_filter) instead of the baskets⋈baskets self-join — the
# r9 rewrite that cut the sf5 oracle wall 103s → 6.4s. Every CTE stays
# PLAIN deliberately: DuckDB 1.0 scans a MATERIALIZED CTE essentially
# single-threaded (measured 42-84s for this query with MATERIALIZED
# marks vs 6.4s plain), and baskets is cheap to recompute in parallel
# (~1s/scan at sf5) — the inverse of the minhash-oracle lesson, where
# the re-inlined CTE was the expensive side. n_orders comes straight
# from baskets so `lists` stays single-use. Verified value-equal to the
# old self-join form at sf0.01 and sf5 before the swap.
_BASKET_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
o AS (SELECT count(DISTINCT ok) AS n_orders FROM baskets),
singles AS (SELECT b, count(*) AS n_b FROM baskets GROUP BY b),
lists AS (SELECT ok, list(b) AS bs FROM baskets GROUP BY ok),
expl AS (SELECT unnest(bs) AS a, bs FROM lists),
pairs AS (
  SELECT a AS brand_a, unnest(list_filter(bs, x -> x > a)) AS brand_b
  FROM expl
),
pc AS (SELECT brand_a, brand_b, count(*) AS n_ab FROM pairs GROUP BY 1, 2)
SELECT brand_a, brand_b, n_ab,
       n_ab * 1000000 // n_orders AS support_e6,
       CAST(floor(
         ((n_ab * 1.0 / n_orders))
         / ((sa.n_b * 1.0 / n_orders) * (sb.n_b * 1.0 / n_orders))
         * 1000000
       ) AS BIGINT) AS lift_e6
FROM pc
CROSS JOIN o
JOIN singles sa ON sa.b = brand_a
JOIN singles sb ON sb.b = brand_b
"""


@register("q_market_basket", oracle=_BASKET_ORACLE)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair generation is the posting-list pattern (near_dup_pairs'
    # discipline), NOT a baskets⋈baskets self-join: ONE order-keyed
    # shuffle builds each order's sorted distinct brand list, then the
    # i<j pairs expand map-side through explode(sequence)+getItem
    # (codegen; fanout bounded by the 25-brand domain). The self-join
    # formulation shuffles the basket table twice more and was measured
    # 10.2s at sf1 vs ~4s for this shape. Order totals and per-brand
    # counts derive from the same lists (identical subtrees — exchange
    # reuse shares the aggregation).
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # r11 optimization (guide §2.4/§5): lists has three consumers (o,
    # singles, pairs) and the o/sa/sb broadcast jobs each re-ran the
    # lineitem⋈part + order-keyed shuffle (10 steady-state jobs).
    # Persist the |orders|-bounded basket table for the action's
    # lifetime; built fresh per call, ContextCleaner retires the block.
    lists = call_persisted(
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    o = lists.agg(F.count(F.lit(1)).alias("n_orders"))
    singles = lists.select(F.explode("bs").alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    expanded = lists.filter(F.size("bs") >= 2).select(
        "bs", F.explode(F.sequence(F.lit(0), F.size("bs") - 2)).alias("i")
    )
    pairs = (
        expanded.select(
            "bs",
            "i",
            F.explode(
                F.sequence(F.col("i") + 1, F.size("bs") - 1)
            ).alias("j"),
        )
        .groupBy(
            F.col("bs")[F.col("i")].alias("brand_a"),
            F.col("bs")[F.col("j")].alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = singles.select(F.col("b").alias("ka"), F.col("n_b").alias("na"))
    sb = singles.select(F.col("b").alias("kb"), F.col("n_b").alias("nb"))
    lift = (F.col("n_ab") * 1.0 / F.col("n_orders")) / (
        (F.col("na") * 1.0 / F.col("n_orders"))
        * (F.col("nb") * 1.0 / F.col("n_orders"))
    )
    return (
        pairs.crossJoin(F.broadcast(o))
        .join(F.broadcast(sa), F.col("brand_a") == F.col("ka"))
        .join(F.broadcast(sb), F.col("brand_b") == F.col("kb"))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.expr("n_ab * 1000000L div n_orders").alias("support_e6"),
            F.floor(lift * 1000000).cast("bigint").alias("lift_e6"),
        )
    )


# ---------------------------------------------------------------------------
# q_gini — revenue-concentration Gini coefficient per region from the
# rank formula G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over per-customer
# revenue sorted ascending (i = 1..n). Customer revenue is summed in
# integer cents then floored to whole dollars so every product and sum
# stays comfortably inside BIGINT at any realizable tier (i·xᵢ ≤ 3e4·1.5e6
# at sf1); the single final division converts two exact BIGINTs to double
# identically in both engines.
#
# Scale: the rank window partitions by region and sorts by (revenue,
# custkey) — a per-region sort is inherent to any exact rank-based Gini;
# at 100 TB the same statistic is computed per range-partitioned revenue
# bucket with merged rank offsets (two passes), same formula.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH rev AS (
  SELECT c.c_custkey,
         n.n_regionkey AS rk,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
           AS x
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT rk, x,
         row_number() OVER (PARTITION BY rk ORDER BY x, c_custkey) AS i
  FROM rev
),
stats AS (
  SELECT r.r_name AS region,
         count(*) AS n_customers,
         CAST(sum(x) AS BIGINT) AS total_rev,
         CAST(sum(i * x) AS BIGINT) AS wsum
  FROM ranked JOIN region r ON ranked.rk = r.r_regionkey
  GROUP BY 1
)
SELECT region, n_customers, total_rev,
       CAST(floor(
         (2 * wsum - (n_customers + 1) * total_rev) * 1.0
         / (n_customers * total_rev) * 1000000
       ) AS BIGINT) AS gini_e6
FROM stats
"""


@register("q_gini", oracle=_GINI_ORACLE)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", F.col("n_regionkey").alias("rk"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast(
                    "bigint"
                )
                / 100
            )
            .cast("bigint")
            .alias("x")
        )
    )
    w = Window.partitionBy("rk").orderBy("x", "c_custkey")
    ranked = rev.select("rk", "x", F.row_number().over(w).alias("i"))
    stats = (
        ranked.join(F.broadcast(region), F.col("rk") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("x").cast("bigint").alias("total_rev"),
            F.sum(F.col("i") * F.col("x")).cast("bigint").alias("wsum"),
        )
    )
    gini = (
        (2 * F.col("wsum") - (F.col("n_customers") + 1) * F.col("total_rev"))
        * 1.0
        / (F.col("n_customers") * F.col("total_rev"))
    )
    return stats.select(
        "region",
        "n_customers",
        "total_rev",
        F.floor(gini * 1000000).cast("bigint").alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# q_autocorr — lag-1/2/3 autocorrelation of the daily revenue series:
# the stationarity screen run before fitting any forecasting model on
# ingest volume. Daily revenue is floored to thousands of dollars so the
# per-lag sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) stay exact
# BIGINTs at any tier (x ≈ 1e5 at sf1 → n·Σx² ≈ 5e16 « 2^63); Pearson r
# is then one double expression over those exact integers — numerator
# and the two variance factors convert identically, sqrt is IEEE-exact,
# and the result floors to e6.
#
# Scale: one day-keyed rollup shuffle; the series itself is calendar-
# bounded (thousands of rows regardless of corpus size), so the lag
# window and the 3-row aggregate are model-sized.
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           // 100000 AS x
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT k.lag AS lag, d.x,
         lead(d.x, CAST(k.lag AS INT)) OVER (PARTITION BY k.lag ORDER BY d.day)
           AS y
  FROM daily d CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) k
),
stats AS (
  SELECT lag,
         count(*) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM lagged WHERE y IS NOT NULL GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       CASE WHEN n_pairs * sxx - sx * sx = 0 OR n_pairs * syy - sy * sy = 0
            THEN NULL
            ELSE CAST(floor(
              (n_pairs * sxy - sx * sy) * 1.0
              / sqrt(((n_pairs * sxx - sx * sx) * 1.0)
                     * ((n_pairs * syy - sy * sy) * 1.0))
              * 1000000
            ) AS BIGINT)
       END AS r_e6
FROM stats
"""


@register("q_autocorr", oracle=_AUTOCORR_ORACLE)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("bigint")
            / 100000
        )
        .cast("bigint")
        .alias("x")
    )
    lags = spark.range(1, 4).select(F.col("id").alias("lag"))
    w = Window.partitionBy("lag").orderBy("day")
    lagged = (
        daily.crossJoin(F.broadcast(lags))
        .select(
            "lag",
            "x",
            F.lead("x", 1).over(w).alias("y1"),
            F.lead("x", 2).over(w).alias("y2"),
            F.lead("x", 3).over(w).alias("y3"),
        )
        .select(
            "lag",
            "x",
            F.when(F.col("lag") == 1, F.col("y1"))
            .when(F.col("lag") == 2, F.col("y2"))
            .otherwise(F.col("y3"))
            .alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    stats = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    vx = F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0
    den = F.sqrt((vx * 1.0) * (vy * 1.0))
    # A constant series (either side) has zero variance: NULL in both
    # engines instead of an engine-divergent inf/NaN (ANSI Spark would
    # not even divide) — same guard as q_regression_trend's determinant.
    return stats.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        F.when(
            (vx != 0) & (vy != 0),
            F.floor(num / den * 1000000).cast("bigint"),
        ).alias("r_e6"),
    )


# ---------------------------------------------------------------------------
# q_anomaly_mad — robust anomaly detection on hourly event volume:
# flag hours where |count − median| > 3·MAD per event type (the
# median-absolute-deviation rule — unlike z-scores it doesn't let the
# anomalies inflate their own threshold). Entirely integer-exact: both
# engines' exact medians of BIGINT counts are integer multiples of 0.5,
# so med2 = 2·median and mad4 = 2·median(2·|dev|) are exact BIGINTs and
# the flag predicate |c−med| > 3·MAD rewrites as 2·dev2 > 3·mad4 with no
# floats anywhere.
#
# Scale: one hour-keyed count shuffle; medians are per-type over a
# calendar-bounded series (the model table is |types| rows, broadcast
# back). At 100 TB the hourly rollup is the only corpus-sized pass.
# ---------------------------------------------------------------------------

_ANOMALY_MAD_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, CAST(2 * median(c) AS BIGINT) AS med2
  FROM hourly GROUP BY event_type
),
dev AS (
  SELECT hourly.event_type, c, med2, abs(2 * c - med2) AS dev2
  FROM hourly JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, CAST(2 * median(dev2) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       count(*) AS n_hours,
       any_value(med2) AS med2,
       any_value(mad4) AS mad4,
       CAST(sum(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
"""


@register("q_anomaly_mad", oracle=_ANOMALY_MAD_ORACLE)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    med = hourly.groupBy("event_type").agg(
        (2 * F.median("c")).cast("bigint").alias("med2")
    )
    dev = hourly.join(F.broadcast(med), "event_type").select(
        "event_type",
        "c",
        "med2",
        F.abs(2 * F.col("c") - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("event_type").agg(
        (2 * F.median("dev2")).cast("bigint").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.any_value("med2").alias("med2"),
            F.any_value("mad4").alias("mad4"),
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


# ---------------------------------------------------------------------------
# q_weighted_sample — weighted sampling without replacement (Efraimidis-
# Spirakis A-ES): each document draws a uniform u and survives with key
# u^(1/w) (w = n_chars); the top-k keys ARE a weighted sample without
# replacement. The corpus-mixing primitive when sources must be sampled
# proportionally to length/quality weights.
#
# Determinism: u is derived from md5(doc_id) (13 hex nibbles → exact
# 52-bit integer, +1 so ln never sees 0) — a pure function of the row,
# reproducible on any engine and any cluster size. Ranking uses
# ln(u)/w (monotone in u^(1/w)) floored to e12 fixed-point with doc_id
# tiebreak, so the top-k cut is integer-exact — no float-order hazard at
# the boundary. Scale: map-only key computation + TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_WSAMPLE_K = 100
_U_DENOM = float(1 << 52)

_WSAMPLE_ORACLE = f"""
SELECT doc_id, source, n_chars,
       CAST(floor(
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1.0)
            / {_U_DENOM!r})
         / n_chars * 1000000000000
       ) AS BIGINT) AS key_e12
FROM documents
ORDER BY key_e12 DESC, doc_id
LIMIT {_WSAMPLE_K}
"""


@register("q_weighted_sample", oracle=_WSAMPLE_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u_num = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 13),
        16,
        10,
    ).cast("bigint")
    key = F.floor(
        F.log((u_num + 1.0) / F.lit(_U_DENOM)) / F.col("n_chars") * 1000000000000
    ).cast("bigint")
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("key_e12"))
        .orderBy(F.desc("key_e12"), F.asc("doc_id"))
        .limit(_WSAMPLE_K)
    )


# ---------------------------------------------------------------------------
# q_curriculum_order — curriculum construction: bucket documents into 4
# fixed difficulty tiers (by length — the standard first-order difficulty
# proxy), shuffle deterministically WITHIN each tier (md5 order — the
# reproducible shuffle every training run needs for resumability), and
# certify the resulting global order with a position-weighted checksum.
#
# The checksum pins the exact curriculum sequence cross-engine: any
# reordering, not just membership change, flips it. Positions are
# per-tier row_numbers; doc_id is folded mod 100003 so pos·fold sums
# stay far inside BIGINT at any tier. Scale: the per-tier sort is the
# one global-ish operation — at 100 TB this becomes a range-partitioned
# sort by (tier, md5) with the same semantics (noted, as for
# q_cumulative_distinct's day spine).
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH tiers AS (
  SELECT doc_id,
         CASE WHEN n_chars < 150 THEN 0
              WHEN n_chars < 300 THEN 1
              WHEN n_chars < 450 THEN 2
              ELSE 3 END AS tier,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
ordered AS (
  SELECT tier, doc_id,
         row_number() OVER (PARTITION BY tier ORDER BY h, doc_id) AS pos
  FROM tiers
)
SELECT tier, count(*) AS n_docs,
       min_by(doc_id, pos) AS first_doc,
       CAST(sum(pos * (doc_id % 100003)) AS BIGINT) AS ord_checksum
FROM ordered
GROUP BY tier
"""


@register("q_curriculum_order", oracle=_CURRICULUM_ORACLE)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tier = (
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 300, 1)
        .when(F.col("n_chars") < 450, 2)
        .otherwise(3)
    )
    tiers = docs.select(
        "doc_id",
        tier.alias("tier"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
    )
    w = Window.partitionBy("tier").orderBy("h", "doc_id")
    ordered = tiers.select(
        "tier", "doc_id", F.row_number().over(w).alias("pos")
    )
    return ordered.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min_by("doc_id", "pos").alias("first_doc"),
        F.sum(F.col("pos") * (F.col("doc_id") % 100003))
        .cast("bigint")
        .alias("ord_checksum"),
    )


# ---------------------------------------------------------------------------
# q_span_corruption — T5-style span-corruption example generation: mask
# a deterministic 3-token span per document with a sentinel, emit the
# corrupted input (as a checksum — it is document-sized) and the target
# (sentinel + the masked span — bounded, emitted verbatim). The map-only
# denoising-objective data-gen pass every seq2seq pretraining pipeline
# runs over the full corpus.
#
# The span start is a pure md5 function of doc_id (2 ≤ s ≤ n−4, so both
# prefix and suffix stay non-empty); slices, concat and join are
# built-in array ops in both engines — no UDF, whole-stage codegen'd.
# ---------------------------------------------------------------------------

_SPAN_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents
),
spanned AS (
  SELECT doc_id, t, n,
         2 + (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % (n - 5)) AS s
  FROM tok WHERE n >= 8
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(s AS BIGINT) AS span_start,
       '<extra_id_0> ' || array_to_string(t[CAST(s AS INT):CAST(s + 2 AS INT)], ' ')
         AS target,
       ('0x' || substr(md5(
          array_to_string(
            list_concat(list_concat(t[1:CAST(s - 1 AS INT)], ['<extra_id_0>']),
                        t[CAST(s + 3 AS INT):CAST(n AS INT)]),
            ' ')
        ), 1, 15))::BIGINT % 1000000000 AS corrupted_cs
FROM spanned
"""


@register("q_span_corruption", oracle=_SPAN_ORACLE)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    ).filter(F.col("n") >= 8)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("bigint")
    spanned = tok.select(
        "doc_id", "t", "n", (F.lit(2) + h % (F.col("n") - 5)).alias("s")
    )
    s = F.col("s").cast("int")
    corrupted = F.array_join(
        F.concat(
            F.slice(F.col("t"), F.lit(1), s - 1),
            F.array(F.lit("<extra_id_0>")),
            F.slice(F.col("t"), s + 3, F.col("n") - s - 2),
        ),
        " ",
    )
    return spanned.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("s").cast("bigint").alias("span_start"),
        F.concat(
            F.lit("<extra_id_0> "),
            F.array_join(F.slice(F.col("t"), s, F.lit(3)), " "),
        ).alias("target"),
        (
            F.conv(F.substring(F.md5(corrupted.cast("binary")), 1, 15), 16, 10)
            .cast("bigint")
            % 1000000000
        ).alias("corrupted_cs"),
    )


# ---------------------------------------------------------------------------
# q_embed_kmeans — k-means over the embedding table, 3 full Lloyd
# iterations (assign → re-center → assign → re-center → assign), k = 4,
# seeds = vec_id 0..3. Extends q_knn_ivf_kmeans's single exact-rounded
# iteration to the ITERATED form an IVF/SemDeDup index trainer actually
# runs, and reports the per-cluster convergence artifacts: size, inertia
# (Σ squared distance to the final centroid) and a centroid checksum.
#
# Exactness: embeddings quantize once to e6 BIGINT components; squared
# L2 distances are then pure BIGINT arithmetic (no float order hazard),
# argmin ties break on cid; re-centering floors Σ/ n via one double
# division of exact integers per dimension. Both engines replay the
# identical algorithm, so the oracle is exact at every iteration.
#
# Scale: per iteration = one broadcast of k×64 centroids + a map-side
# assignment pass + one (cid, dim)-keyed re-centering shuffle. Nothing
# collects to the driver; iteration count is the only serial dimension —
# exactly how MLlib's k-means distributes, minus its sampled init.
# ---------------------------------------------------------------------------

_KMEANS_ASSIGNS = 3  # assignment passes; re-centering runs between them


def _kmeans_oracle() -> str:
    dist = (
        "CAST(list_sum(list_transform(range(1, 65), "
        "p -> (x[CAST(p AS INT)] - c[CAST(p AS INT)])"
        " * (x[CAST(p AS INT)] - c[CAST(p AS INT)]))) AS BIGINT)"
    )
    parts = [
        """
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        v -> CAST(floor(v * 1000000) AS BIGINT)) AS x
  FROM embeddings
),
cent0 AS (SELECT vec_id AS cid, x AS c FROM vecs WHERE vec_id < 4)"""
    ]
    for i in range(1, _KMEANS_ASSIGNS + 1):
        parts.append(
            f""",
a{i} AS (
  SELECT vec_id, cid, x, dist FROM (
    SELECT vec_id, cid, x, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM (
      SELECT v.vec_id, c.cid, v.x, {dist} AS dist
      FROM vecs v CROSS JOIN cent{i - 1} c
    )
  ) WHERE rn = 1
)"""
        )
        if i < _KMEANS_ASSIGNS:
            parts.append(
                f""",
cent{i} AS (
  SELECT cid, list(cv ORDER BY p) AS c FROM (
    SELECT cid, p,
           CAST(floor(sum(x[CAST(p AS INT)]) * 1.0 / count(*)) AS BIGINT) AS cv
    FROM a{i} CROSS JOIN unnest(range(1, 65)) AS u(p)
    GROUP BY cid, p
  ) GROUP BY cid
)"""
            )
    last = _KMEANS_ASSIGNS
    parts.append(
        f"""
SELECT a.cid,
       count(*) AS n_vecs,
       CAST(sum(a.dist) AS BIGINT) AS inertia,
       any_value(cs.centroid_sum) AS centroid_sum
FROM a{last} a
JOIN (SELECT cid, CAST(list_sum(c) AS BIGINT) AS centroid_sum
      FROM cent{last - 1}) cs ON cs.cid = a.cid
GROUP BY a.cid"""
    )
    return "".join(parts)


def _kmeans_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment on exact BIGINT squared L2."""
    dist = F.aggregate(
        F.zip_with(F.col("x"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "x", "dist")
    )


def _kmeans_assign_arrow(vecs: DataFrame, cent_rows) -> DataFrame:
    """_kmeans_assign with the k interpreted BIGINT folds in ONE Arrow
    kernel (round 8): the collected k×64 integer centroids ride the
    closure (the MLlib broadcast shape), so assignment is a map-only
    pass — no N×k crossJoin rows, no vec_id window shuffle. Distances
    are exact int64 (no float order hazard; vector_kernels.fold_sq_l2_int
    documents the range headroom) and np.argmin's first-minimum matches
    the (dist, cid)-ascending window winner because centroids are sorted
    by cid. Bit-identical to the HOF plan and the oracle by exactness,
    not by fold-order replay."""
    import numpy as np

    from data_ingestion_service_spark.functions import vector_kernels as vk

    cents = sorted((int(r.cid), np.asarray(r.c, dtype=np.int64)) for r in cent_rows)
    cids = np.array([c[0] for c in cents], dtype=np.int64)
    cmat = np.vstack([c[1] for c in cents])  # k × 64 int64

    def kernel(batches):
        import pandas as pd

        from data_ingestion_service_spark.chaos import maybe_fail

        maybe_fail("kmeans_assign")  # retry rung (no-op unless enabled)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["x"].to_numpy()).astype(np.int64)
            dists = np.stack(
                [vk.fold_sq_l2_int(mat, cmat[j]) for j in range(len(cids))],
                axis=1,
            )
            j = np.argmin(dists, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cids[j],
                    "x": pdf["x"],
                    "dist": dists[np.arange(len(j)), j],
                }
            )

    return vecs.select("vec_id", "x").mapInPandas(
        kernel, schema="vec_id bigint, cid bigint, x array<bigint>, dist bigint"
    )


def _kmeans_recenter(assigned: DataFrame) -> DataFrame:
    """Floor-of-mean centroid per (cid, dim), reassembled in dim order."""
    return (
        assigned.select("cid", F.posexplode("x").alias("p0", "v"))
        .groupBy("cid", (F.col("p0") + 1).alias("p"))
        .agg(
            F.floor(F.sum("v") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("cv")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "cv"))),
                lambda s: s["cv"],
            ).alias("c")
        )
    )


@register("q_embed_kmeans", oracle=_kmeans_oracle())
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_ingestion_service_spark.functions.vector import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    # r11 optimization (guide §5): every Lloyd pass (init collect + 3
    # Arrow assignments) re-read the parquet and re-quantized the
    # vectors — 4 scans per call. Persist the decoded table once per
    # call (MLlib caches its k-means input for the same reason); the
    # ContextCleaner retires the block when the plan is collected.
    vecs = call_persisted(emb.select(
        "vec_id",
        F.transform(
            as_double("embedding"), lambda v: F.floor(v * 1000000).cast("bigint")
        ).alias("x"),
    ))
    # Round 8: each of the 3 assignment passes is a map-only Arrow
    # kernel over the collected (tiny, k×64 int) centroids instead of a
    # crossJoin + vec_id window — one bounded driver round-trip per
    # Lloyd iteration, exactly MLlib k-means's serial dimension.
    cent_rows = (
        vecs.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("cid"), F.col("x").alias("c"))
        .collect()
    )
    assigned = _kmeans_assign_arrow(vecs, cent_rows)
    for _ in range(_KMEANS_ASSIGNS - 1):
        cent_rows = _kmeans_recenter(assigned).collect()
        assigned = _kmeans_assign_arrow(vecs, cent_rows)
    # centroid_sum: exact integer sum of the already-collected final
    # centroids (the relational bigint fold on the same values).
    sums = spark.createDataFrame(
        [(int(r.cid), int(sum(r.c))) for r in cent_rows],
        schema="cid bigint, centroid_sum bigint",
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("dist").cast("bigint").alias("inertia"),
        )
        .join(F.broadcast(sums), "cid")
        .select("cid", "n_vecs", "inertia", "centroid_sum")
    )


# ---------------------------------------------------------------------------
# q_latency_percentiles — exact discrete p50/p90/p99 of event value per
# type via rank selection (the SLO-reporting primitive). Interpolating
# percentile built-ins differ across engines in their float blending;
# the DISCRETE definition — the element at rank ceil(q·n) under a total
# order — is integer-exact and identical everywhere, so both engines
# select the same physical row. Values quantize to cents once (they are
# 2dp-positive by fixture construction).
#
# Scale: one (type, cents) histogram shuffle + rank windows over the
# histogram. (At 100 TB with few types the same statistic is computed
# per salt shard and merged by a second exact selection over shard
# boundaries, or approximated with KLL — this key is the exact tier.)
# ---------------------------------------------------------------------------

_PCTL_ORACLE = """
WITH v AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_type,
       any_value(n) AS n_events,
       min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cents END)
         AS p50_cents,
       min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN cents END)
         AS p90_cents,
       min(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN cents END)
         AS p99_cents
FROM ranked
GROUP BY event_type
"""


@register("q_latency_percentiles", oracle=_PCTL_ORACLE)
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Histogram form of the exact rank pick (models.cents_histogram): no
    # event-stream sort, so no per-type sort task that spills at scale.
    h = models.cents_histogram(load_table(spark, sf_dir, "events"))
    return h.groupBy("event_type").agg(
        F.any_value("n").alias("n_events"),
        *(
            models.cents_at_rank(models.quantile_rank(q)).alias(f"p{p}_cents")
            for q, p in ((0.5, 50), (0.9, 90), (0.99, 99))
        ),
    )


# ---------------------------------------------------------------------------
# q_psi_drift — Population Stability Index between the first and second
# half of the event stream, per event type over 10 fixed value buckets:
# PSI = Σ_buckets (p−q)·ln(p/q) with add-1 smoothing — the standard
# model-monitoring drift score (PSI > 0.2 = investigate). Complements
# q_source_divergence (KL across sources) and q_embedding_drift
# (centroid shift) with the time-sliced distribution screen.
#
# Exactness: bucket counts are exact BIGINTs; p and q are quotients of
# exact integers, each bucket's term is one fixed-structure double
# expression floored to e9 BEFORE the per-type sum, so the total is an
# associative integer sum. Scale: one (type, half, bucket) count shuffle;
# the model table is |types|·20 rows.
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16"
_PSI_BUCKETS = 10

_PSI_ORACLE = f"""
WITH bucketed AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS half,
         least(CAST(floor(value / 50) AS BIGINT), {_PSI_BUCKETS - 1}) AS bucket
  FROM events
),
cnt AS (
  SELECT event_type, bucket,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM bucketed GROUP BY 1, 2
),
tot AS (
  SELECT event_type,
         CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM cnt GROUP BY event_type
),
terms AS (
  SELECT cnt.event_type,
         CAST(floor(
           (((c1 + 1.0) / (n1 + {_PSI_BUCKETS})) - ((c2 + 1.0) / (n2 + {_PSI_BUCKETS})))
           * ln(((c1 + 1.0) / (n1 + {_PSI_BUCKETS})) / ((c2 + 1.0) / (n2 + {_PSI_BUCKETS})))
           * 1000000000
         ) AS BIGINT) AS term_e9
  FROM cnt JOIN tot ON cnt.event_type = tot.event_type
)
SELECT event_type, count(*) AS n_buckets,
       CAST(sum(term_e9) AS BIGINT) AS psi_e9
FROM terms GROUP BY event_type
"""


@register("q_psi_drift", oracle=_PSI_ORACLE)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.select(
        "event_type",
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), 0)
        .otherwise(1)
        .alias("half"),
        F.least(
            F.floor(F.col("value") / 50).cast("bigint"),
            F.lit(_PSI_BUCKETS - 1).cast("bigint"),
        ).alias("bucket"),
    )
    cnt = bucketed.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    b = float(_PSI_BUCKETS)
    p = (F.col("c1") + 1.0) / (F.col("n1") + b)
    q = (F.col("c2") + 1.0) / (F.col("n2") + b)
    terms = cnt.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.floor((p - q) * F.log(p / q) * 1000000000)
        .cast("bigint")
        .alias("term_e9"),
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("term_e9").cast("bigint").alias("psi_e9"),
    )


# ---------------------------------------------------------------------------
# q_skyline — 2-D Pareto frontier over parts (minimize retail price,
# maximize size): a part is on the distinct skyline iff no part sorted
# before it under (price ASC, size DESC) has size ≥ its own. The classic
# window rewrite — sort once, one running-max comparison — instead of
# the naive NOT EXISTS self-join (O(n²)). Prices quantize to exact cents.
#
# Scale: the sort is the operator (skylines are order statistics); at
# 100 TB the same running max distributes by price-band range partitions
# whose band-level maxima merge in a second tiny pass. The output is the
# frontier — tiny by nature.
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH priced AS (
  SELECT p_partkey, p_name,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS p_size
  FROM part
),
scanned AS (
  SELECT p_partkey, p_name, price_cents, p_size,
         max(p_size) OVER (
           ORDER BY price_cents, p_size DESC, p_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_before
  FROM priced
)
SELECT p_partkey, p_name, price_cents, p_size
FROM scanned
WHERE best_before IS NULL OR p_size > best_before
"""


@register("q_skyline", oracle=_SKYLINE_ORACLE)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    priced = part.select(
        "p_partkey",
        "p_name",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    w = (
        Window.orderBy("price_cents", F.desc("p_size"), "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = priced.withColumn("best_before", F.max("p_size").over(w))
    return scanned.filter(
        F.col("best_before").isNull() | (F.col("p_size") > F.col("best_before"))
    ).select("p_partkey", "p_name", "price_cents", "p_size")


# ---------------------------------------------------------------------------
# q_budget_allocation — Hamilton (largest-remainder) apportionment of a
# fixed 1M-token training budget across sources, proportional to each
# source's token count: base = budget·cᵢ div C, then the budget−Σbase
# leftover units go to the largest remainders (budget·cᵢ mod C, source
# tiebreak). THE exact integer algorithm for corpus budgeting — float
# shares never sum to the budget; largest-remainder does by
# construction. Complements q_corpus_mix (cap-based) and
# q_corpus_temperature (share^0.7) with the exact-quota allocator.
#
# Scale: one token-count reduce; allocation runs over |sources| rows.
# ---------------------------------------------------------------------------

_BUDGET = 1_000_000

_BUDGET_ORACLE = f"""
WITH counts AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS c FROM counts),
quotas AS (
  SELECT source, n_tokens,
         {_BUDGET} * n_tokens // c AS base_quota,
         {_BUDGET} * n_tokens % c AS remainder
  FROM counts CROSS JOIN tot
),
leftover AS (
  SELECT CAST({_BUDGET} - sum(base_quota) AS BIGINT) AS k FROM quotas
),
ranked AS (
  SELECT source, n_tokens, base_quota, remainder,
         row_number() OVER (ORDER BY remainder DESC, source) AS rk
  FROM quotas
)
SELECT source, n_tokens, base_quota,
       CASE WHEN rk <= k THEN 1 ELSE 0 END AS extra,
       base_quota + (CASE WHEN rk <= k THEN 1 ELSE 0 END) AS final_quota
FROM ranked CROSS JOIN leftover
"""


@register("q_budget_allocation", oracle=_BUDGET_ORACLE)
def q_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Totals/leftover come from unpartitioned windows over the |sources|-row
    # counts table (NOT separate aggregate branches: DataFrame lineage would
    # re-scan the corpus once per branch — the posture test pins one scan).
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    w_all = Window.partitionBy()
    quotas = counts.select(
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w_all).cast("bigint").alias("c"),
    ).select(
        "source",
        "n_tokens",
        F.expr(f"{_BUDGET}L * n_tokens div c").alias("base_quota"),
        (F.lit(_BUDGET).cast("bigint") * F.col("n_tokens") % F.col("c")).alias(
            "remainder"
        ),
    )
    w_rank = Window.orderBy(F.desc("remainder"), F.asc("source"))
    ranked = quotas.select(
        "source",
        "n_tokens",
        "base_quota",
        "remainder",
        (F.lit(_BUDGET) - F.sum("base_quota").over(w_all)).cast("bigint").alias("k"),
        F.row_number().over(w_rank).alias("rk"),
    )
    extra = F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
    return ranked.select(
        "source",
        "n_tokens",
        "base_quota",
        extra.alias("extra"),
        (F.col("base_quota") + extra).alias("final_quota"),
    )


# ---------------------------------------------------------------------------
# q_time_weighted_avg — time-weighted average event value per user via
# trapezoidal integration over irregular samples (the TSDB `time_weight`
# operator — a plain AVG over-weights bursts). Integral and span stay
# exact BIGINTs (cents × epoch-seconds); the single final division
# converts identically in both engines and floors to e4 of cents (= e6
# of dollars).
#
# Scale: one lead() window partitioned by user — per-key state is one
# row; a hot user costs one partition's sort, which AQE's skew handling
# splits at the exchange level (salting is result-invariant here since
# the integral is associative over time-contiguous chunks).
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(round(value * 100) AS BIGINT) AS v,
         event_id
  FROM events
),
stepped AS (
  SELECT user_id, t, v,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS t2,
         lead(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS v2
  FROM e
),
integ AS (
  SELECT user_id,
         count(*) + 1 AS n_events,
         CAST(sum((v + v2) * (t2 - t)) AS BIGINT) AS num2,
         CAST(max(t2) - min(t) AS BIGINT) AS span
  FROM stepped WHERE t2 IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events, span,
       CAST(floor(num2 * 1.0 / (2 * span) * 10000) AS BIGINT)
         AS twa_cents_e4
FROM integ WHERE span > 0
"""


@register("q_time_weighted_avg", oracle=_TWA_ORACLE)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    stepped = e.select(
        "user_id",
        "t",
        "v",
        F.lead("t").over(w).alias("t2"),
        F.lead("v").over(w).alias("v2"),
    ).filter(F.col("t2").isNotNull())
    integ = stepped.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
        F.sum((F.col("v") + F.col("v2")) * (F.col("t2") - F.col("t")))
        .cast("bigint")
        .alias("num2"),
        (F.max("t2") - F.min("t")).cast("bigint").alias("span"),
    )
    return integ.filter(F.col("span") > 0).select(
        "user_id",
        "n_events",
        "span",
        F.floor(F.col("num2") * 1.0 / (2 * F.col("span")) * 10000)
        .cast("bigint")
        .alias("twa_cents_e4"),
    )


# ---------------------------------------------------------------------------
# q_vocab_growth — Heaps'-law vocabulary-growth curve at the BIGRAM
# level: scan the corpus in doc_id order split into 10 equal id-range
# buckets and report how many NEVER-SEEN-BEFORE bigrams each bucket
# contributes plus the running vocabulary size. The corpus-health curve
# that distinguishes organic text (sub-linear growth) from boilerplate
# floods (flat) and junk/noise (linear) — and the empirical basis for
# shingle-index capacity planning. (Bigrams, not unigrams: the fixture's
# word-soup unigram vocabulary saturates inside the first bucket, which
# demonstrates nothing; the bigram space exhibits the real decay curve.)
#
# Shape: bigram first-seen bucket = one min-aggregate over the exploded
# corpus (THE corpus-sized reduce), new-bigram counts per bucket, then a
# ≤10-row running sum. No windows over data-sized inputs.
# ---------------------------------------------------------------------------

_VOCAB_GROWTH_ORACLE = """
WITH mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
firsts AS (
  SELECT bg, min(doc_id * 10 // n) AS first_bucket
  FROM (
    SELECT doc_id, s[CAST(i AS INT)] || ' ' || s[CAST(i AS INT) + 1] AS bg
    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
    CROSS JOIN unnest(range(1, len(s))) AS u(i)
    WHERE len(s) >= 2
  )
  CROSS JOIN mx
  GROUP BY bg
),
per_bucket AS (
  SELECT first_bucket AS bucket, count(*) AS new_tokens
  FROM firsts GROUP BY first_bucket
)
SELECT bucket, new_tokens,
       CAST(sum(new_tokens) OVER (
         ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_vocab
FROM per_bucket
"""


@register("q_vocab_growth", oracle=_VOCAB_GROWTH_ORACLE)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("n"))
    firsts = (
        shingle_rows(docs, 2)
        .crossJoin(F.broadcast(mx))
        .groupBy(F.col("shingle").alias("t"))
        .agg(F.min(F.expr("doc_id * 10 div n")).alias("first_bucket"))
    )
    per_bucket = firsts.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.withColumn(
        "cum_vocab", F.sum("new_tokens").over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# q_hits — HITS hubs-and-authorities over the customer→brand purchase
# bipartite graph, two unnormalized Kleinberg iterations: a₁ = indegree,
# h₁(u) = Σ a₁ over u's brands, a₂(b) = Σ h₁ over b's customers. The
# mutual-reinforcement ranking (big buyers confer more authority than
# many small ones) that pure counts can't express — and, unnormalized,
# every score is an exact BIGINT, so the fixed-point is engine-identical
# with no float normalization hazard. Complements q_pagerank (random
# walk on the dup graph) with the bipartite spectral family.
#
# Scale: edges = one distinct reduce over the fact join, persisted for
# the action (three consumers); iteration 1 broadcasts the |brands|-row
# authority table; iteration 2 is one customer-keyed shuffle + one brand
# rollup. Iterations are the only serial dimension.
# ---------------------------------------------------------------------------

_HITS_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS u, p.p_brand AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
),
a1 AS (SELECT b, count(*) AS auth1 FROM edges GROUP BY b),
h1 AS (
  SELECT e.u, CAST(sum(a1.auth1) AS BIGINT) AS hub1
  FROM edges e JOIN a1 ON a1.b = e.b GROUP BY e.u
),
a2 AS (
  SELECT e.b, CAST(sum(h1.hub1) AS BIGINT) AS auth2
  FROM edges e JOIN h1 ON h1.u = e.u GROUP BY e.b
)
SELECT a1.b AS brand, a1.auth1 AS n_customers, a2.auth2
FROM a1 JOIN a2 ON a1.b = a2.b
"""


@register("q_hits", oracle=_HITS_ORACLE)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # r11 optimization (guide §2.4/§5): edges has THREE consumers (a1,
    # h1, a2) and a1 has two — each downstream broadcast job used to
    # re-run the whole lineitem⋈orders⋈part + distinct lineage (lineitem
    # scanned 4x, 11 steady-state jobs; warm 1.6s). Persisting the
    # |customers×brands|-bounded edge reduce makes each iteration a
    # partial-aggregated pass over the cache (warm 1.07s measured). The
    # all-window alternative (auth1/hub1 as count/sum windows — no
    # persist, straight-line) measured WORSE (1.73s): windows shuffle
    # full edge rows three times with no map-side aggregation, while
    # this shape shrinks every exchange to |brands| / |customers| rows
    # first (guide §2.3 "aggregate before you shuffle"). Per-call (not
    # session_persisted): this is one action's working set — two narrow
    # columns, freed by the ContextCleaner when the plan is dropped —
    # not a cross-key index.
    edges = call_persisted(
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("o_custkey").alias("u"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a1 = edges.groupBy("b").agg(F.count(F.lit(1)).alias("auth1"))
    h1 = (
        edges.join(F.broadcast(a1), "b")
        .groupBy("u")
        .agg(F.sum("auth1").cast("bigint").alias("hub1"))
    )
    a2 = (
        edges.join(h1, "u")
        .groupBy("b")
        .agg(F.sum("hub1").cast("bigint").alias("auth2"))
    )
    return (
        a1.join(a2, "b")
        .select(F.col("b").alias("brand"), F.col("auth1").alias("n_customers"), "auth2")
    )


# ---------------------------------------------------------------------------
# q_attribution — first-touch vs last-touch conversion attribution: each
# purchase credits (a) the user's most recent PRECEDING non-purchase
# event (last-touch: conditional IGNORE NULLS navigation over a
# preceding-rows frame) and (b) the user's very first event of any kind
# (first-touch). Reported as one (model, touch_type, credits) table —
# the marketing-analytics allocation every event pipeline ends up
# serving. Purchases with no prior event credit the 'none' bucket
# explicitly, so the two models' credit totals both equal the purchase
# count (the conservation law that catches attribution bugs).
#
# Scale: ONE per-user window pass computes both touches (frame state is
# O(1) per row); the credit rollup is a |types|-sized aggregate.
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH touched AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_touch,
         first_value(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS first_touch
  FROM events
),
purchases AS (SELECT * FROM touched WHERE event_type = 'purchase')
SELECT 'last' AS model, coalesce(last_touch, 'none') AS touch_type,
       count(*) AS credits
FROM purchases GROUP BY 2
UNION ALL
SELECT 'first' AS model, first_touch AS touch_type, count(*) AS credits
FROM purchases GROUP BY 2
"""


@register("q_attribution", oracle=_ATTRIBUTION_ORACLE)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    full = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    touched = ev.select(
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(prev)
        .alias("last_touch"),
        F.first("event_type").over(full).alias("first_touch"),
    )
    purchases = touched.filter(F.col("event_type") == "purchase")
    # r11 optimization (guide §2.4): the former two-aggregate UNION ran
    # the per-user window subtree once per branch (5 jobs, 8 exchanges).
    # Both attribution models are rows of the same purchase stream, so
    # explode each purchase into its two (model, touch_type) credits
    # map-side and roll up once — one window pass, one tiny exchange.
    # Same multiset of output rows as the UNION ALL.
    credit = F.explode(
        F.array(
            F.struct(
                F.lit("last").alias("model"),
                F.coalesce("last_touch", F.lit("none")).alias("touch_type"),
            ),
            F.struct(
                F.lit("first").alias("model"),
                F.col("first_touch").alias("touch_type"),
            ),
        )
    )
    return (
        purchases.select(credit.alias("mt"))
        .select("mt.model", "mt.touch_type")
        .groupBy("model", "touch_type")
        .agg(F.count(F.lit(1)).alias("credits"))
    )


# ---------------------------------------------------------------------------
# q_pseudonymize — deterministic keyed pseudonymization of user ids
# (privacy-preserving analytics: surrogate = md5(salt‖id) — referential
# integrity survives, raw ids never leave the boundary; the GDPR-
# pipeline companion to q_pii_redact's content redaction and
# q_gdpr_erasure's deletion audit). The output VERIFIES the property a
# pseudonymization must have: per event type, distinct surrogates ==
# distinct users (injective on this universe — collisions would be
# visible right here, not downstream), plus an order-independent
# surrogate checksum pinning the mapping itself cross-engine.
#
# Scale: map-only surrogate derivation + one rollup. The salt is a
# deploy-time secret; a literal stands in (both engines must share it).
# ---------------------------------------------------------------------------

_PSEUDO_SALT = "corpus-salt-v1"

_PSEUDONYMIZE_ORACLE = f"""
WITH s AS (
  SELECT event_type, user_id,
         ('0x' || substr(md5('{_PSEUDO_SALT}|' || CAST(user_id AS VARCHAR)),
                         1, 15))::BIGINT AS surrogate
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT surrogate) AS n_surrogates,
       CAST(sum(surrogate % 1000000000) AS BIGINT) AS surrogate_cs
FROM s GROUP BY event_type
"""


@register("q_pseudonymize", oracle=_PSEUDONYMIZE_ORACLE)
def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    surrogate = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{_PSEUDO_SALT}|"), F.col("user_id").cast("string")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    # r11 optimization (guide §2.3): the single groupBy with TWO distinct
    # aggregates expanded every event row 3x before one skewed
    # |types|-keyed exchange, and evaluated md5 once per EVENT. The
    # surrogate is a pure function of user_id, so distinct surrogates ==
    # distinct f(user_id): cascade (event_type, user_id) → (event_type,
    # surrogate) → event_type. Each stage shrinks, partial aggregation
    # applies throughout, no Expand, and md5 runs once per distinct
    # (type, user) pair instead of once per event.
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_surr = per_user.groupBy(
        "event_type", surrogate.alias("surrogate")
    ).agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return per_surr.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("n_users").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_surrogates"),
        F.sum(F.col("n_events") * (F.col("surrogate") % 1000000000))
        .cast("bigint")
        .alias("surrogate_cs"),
    )


# ---------------------------------------------------------------------------
# q_markov_transitions — first-order Markov transition matrix over each
# user's event-type sequence: P(next | current) from exact pair counts
# (lead() per user), rates in integer ppm via BIGINT division. The
# sequence-model baseline behind session simulation, anomaly scoring
# ("this transition never happens") and funnel design. |types|² rows.
#
# Scale: one per-user window pass + one |types|²-sized rollup; rates
# divide two exact integers — no float path at all.
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, count(*) AS n_trans
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
froms AS (
  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n_trans,
       t.n_trans * 1000000 // f.n_from AS p_e6
FROM trans t JOIN froms f ON f.from_type = t.from_type
"""


@register("q_markov_transitions", oracle=_MARKOV_ORACLE)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    # r11 optimization (guide §2.4): the former froms-aggregate +
    # broadcast-join-back re-ran the per-user window + pair count inside
    # the broadcast job (5 jobs for a |types|²-row result). A sum window
    # partitioned by from_type over the |types|²-sized transition table
    # computes n_from in the same pass — one tiny exchange, no rebuild.
    return (
        trans.withColumn(
            "n_from",
            F.sum("n_trans").over(Window.partitionBy("from_type")).cast("bigint"),
        )
        .select(
            "from_type",
            "to_type",
            "n_trans",
            F.expr("n_trans * 1000000L div n_from").alias("p_e6"),
        )
    )


# ---------------------------------------------------------------------------
# q_chi_square — Pearson chi-square independence test over the
# source × lang contingency table (is document language independent of
# source? — the metadata-bias screen run before trusting per-source
# corpus statistics). Zero cells matter ((0−e)²/e = e, not 0), so the
# table is completed to the full source × lang cross before scoring.
# Observed counts and margins are exact BIGINTs; each cell's term is one
# fixed-structure double expression floored to e6, summed as BIGINT.
#
# Scale: one (source, lang) count shuffle; the contingency table is
# domain-sized (margins are windows over the completed grid).
# ---------------------------------------------------------------------------

_CHI_SQUARE_ORACLE = """
WITH obs AS (
  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
),
grid AS (
  SELECT s.source, l.lang
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN (SELECT DISTINCT lang FROM documents) l
),
cells AS (
  SELECT g.source, g.lang, CAST(coalesce(obs.o, 0) AS BIGINT) AS o
  FROM grid g LEFT JOIN obs ON obs.source = g.source AND obs.lang = g.lang
),
rows_ AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY source),
cols_ AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY lang),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT CAST(floor(
           (cells.o - (rows_.r * 1.0 * cols_.c) / tot.n)
           * (cells.o - (rows_.r * 1.0 * cols_.c) / tot.n)
           / ((rows_.r * 1.0 * cols_.c) / tot.n)
           * 1000000
         ) AS BIGINT) AS term_e6
  FROM cells
  JOIN rows_ ON rows_.source = cells.source
  JOIN cols_ ON cols_.lang = cells.lang
  CROSS JOIN tot
),
dims AS (
  SELECT (SELECT count(*) FROM rows_) AS nr, (SELECT count(*) FROM cols_) AS nc
)
SELECT CAST(sum(term_e6) AS BIGINT) AS chi2_e6,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(any_value((nr - 1) * (nc - 1)) AS BIGINT) AS dof
FROM terms CROSS JOIN dims
"""


@register("q_chi_square", oracle=_CHI_SQUARE_ORACLE)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 optimization (guide §2.4): the r6 shape scanned `documents`
    # three times (obs, distinct sources, distinct langs) and rebuilt the
    # domain-sized `cells` subtree once per margin broadcast — 21 Spark
    # jobs / 74 plan exchanges for one contingency table. Now the single
    # (source, lang) count shuffle is the ONLY corpus pass: sources and
    # langs derive FROM obs (identical exchange subtree → ReusedExchange),
    # obs broadcasts into the completed grid, and every margin (r, c, n)
    # plus both grid dimensions (nr, nc — a complete cross has |sources|
    # cells per lang and |langs| cells per source) come from window
    # functions over the domain-sized grid instead of aggregate-and-
    # broadcast-back joins. Same doubles, same BIGINT terms, same output.
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    sources = obs.select("source").distinct()
    langs = obs.select("lang").distinct()
    grid = sources.crossJoin(F.broadcast(langs))
    cells = grid.join(F.broadcast(obs), ["source", "lang"], "left").select(
        "source", "lang", F.coalesce("o", F.lit(0)).cast("bigint").alias("o")
    )
    w_src = Window.partitionBy("source")
    w_lang = Window.partitionBy("lang")
    w_all = Window.partitionBy()
    enriched = cells.select(
        "o",
        F.sum("o").over(w_src).alias("r"),
        F.sum("o").over(w_lang).alias("c"),
        F.sum("o").over(w_all).alias("n"),
        F.count(F.lit(1)).over(w_lang).alias("nr"),
        F.count(F.lit(1)).over(w_src).alias("nc"),
    )
    e = (F.col("r") * 1.0 * F.col("c")) / F.col("n")
    term = F.floor((F.col("o") - e) * (F.col("o") - e) / e * 1000000).cast(
        "bigint"
    )
    return (
        enriched.select(
            term.alias("term_e6"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
        )
        .agg(
            F.sum("term_e6").cast("bigint").alias("chi2_e6"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.max("dof").cast("bigint").alias("dof"),
        )
    )


# ---------------------------------------------------------------------------
# q_mutual_info — mutual information between document source and length
# tier (does knowing the source leak the length distribution?): MI =
# Σ_cells p(x,y)·log2(p(x,y)/(p(x)p(y))) over observed cells (empty
# cells contribute 0 by the 0·log0 convention — unlike chi-square, no
# grid completion needed). The feature-dependence audit complementing
# q_chi_square's significance test with the information-theoretic
# effect size. Per-cell terms floor to e9 before the BIGINT sum.
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH tiers AS (
  SELECT source,
         CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 300 THEN 1
              WHEN n_chars < 450 THEN 2 ELSE 3 END AS tier
  FROM documents
),
obs AS (SELECT source, tier, count(*) AS o FROM tiers GROUP BY 1, 2),
rows_ AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY source),
cols_ AS (SELECT tier, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY tier),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
terms AS (
  SELECT CAST(floor(
           (obs.o * 1.0 / tot.n)
           * log2((obs.o * 1.0 * tot.n) / (rows_.r * 1.0 * cols_.c))
           * 1000000000
         ) AS BIGINT) AS term_e9
  FROM obs
  JOIN rows_ ON rows_.source = obs.source
  JOIN cols_ ON cols_.tier = obs.tier
  CROSS JOIN tot
)
SELECT CAST(sum(term_e9) AS BIGINT) AS mi_e9,
       CAST(count(*) AS BIGINT) AS n_cells
FROM terms
"""


@register("q_mutual_info", oracle=_MI_ORACLE)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tier = (
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 300, 1)
        .when(F.col("n_chars") < 450, 2)
        .otherwise(3)
    )
    obs = docs.select("source", tier.alias("tier")).groupBy(
        "source", "tier"
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_ = obs.groupBy("source").agg(F.sum("o").cast("bigint").alias("r"))
    cols_ = obs.groupBy("tier").agg(F.sum("o").cast("bigint").alias("c"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    term = F.floor(
        (F.col("o") * 1.0 / F.col("n"))
        * F.log2((F.col("o") * 1.0 * F.col("n")) / (F.col("r") * 1.0 * F.col("c")))
        * 1000000000
    ).cast("bigint")
    return (
        obs.join(F.broadcast(rows_), "source")
        .join(F.broadcast(cols_), "tier")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term_e9"))
        .agg(
            F.sum("term_e9").cast("bigint").alias("mi_e9"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
    )


# ---------------------------------------------------------------------------
# q_decision_stump — best single split of `value` for predicting
# purchases: for each of 9 candidate thresholds over the 10 value
# buckets, information gain IG(t) = H(labels) − weighted H(left/right),
# argmax on (gain, smallest t). The one-node decision tree — the
# feature-evaluation primitive behind split finding in distributed
# GBDT/random-forest training (per-feature histogram → cumulative
# counts → gain scan, exactly this shape at 100 TB, one histogram
# shuffle per feature).
#
# Single source of truth for the math: the entropy/gain expression is
# ONE generated SQL string evaluated by Spark via F.expr and inlined
# verbatim into the DuckDB oracle — structurally impossible for the
# engines' formulas to drift. All counts exact BIGINTs; gain floors to
# e9.
# ---------------------------------------------------------------------------


def _h_sql(x: str, y: str) -> str:
    """Binary entropy of exact integer counts, 0·log0-guarded."""
    s = f"({x} + {y})"
    return (
        f"(CASE WHEN {x} = 0 OR {y} = 0 THEN 0.0 ELSE "
        f"-(({x} * 1.0 / {s}) * log2({x} * 1.0 / {s}) "
        f"+ ({y} * 1.0 / {s}) * log2({y} * 1.0 / {s})) END)"
    )


_IG_SQL = (
    f"CAST(floor(({_h_sql('t1', 't0')} "
    f"- ((c1 + c0) * 1.0 / (t1 + t0)) * {_h_sql('c1', 'c0')} "
    f"- ((t1 - c1 + t0 - c0) * 1.0 / (t1 + t0)) "
    f"* {_h_sql('(t1 - c1)', '(t0 - c0)')}) * 1000000000) AS BIGINT)"
)

_STUMP_ORACLE = f"""
WITH labeled AS (
  SELECT least(CAST(floor(value / 50) AS BIGINT), 9) AS bucket,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
hist AS (
  SELECT bucket,
         CAST(sum(y) AS BIGINT) AS n1,
         CAST(sum(1 - y) AS BIGINT) AS n0
  FROM labeled GROUP BY bucket
),
cum AS (
  SELECT bucket,
         CAST(sum(n1) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
         CAST(sum(n0) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c0,
         CAST(sum(n1) OVER () AS BIGINT) AS t1,
         CAST(sum(n0) OVER () AS BIGINT) AS t0
  FROM hist
),
gains AS (
  SELECT bucket + 1 AS threshold, c1, c0, t1, t0, {_IG_SQL} AS ig_e9
  FROM cum WHERE bucket < 9
)
SELECT threshold, ig_e9,
       c1 + c0 AS n_left, (t1 - c1) + (t0 - c0) AS n_right
FROM gains
ORDER BY ig_e9 DESC, threshold
LIMIT 1
"""


@register("q_decision_stump", oracle=_STUMP_ORACLE)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    labeled = ev.select(
        F.least(
            F.floor(F.col("value") / 50).cast("bigint"), F.lit(9).cast("bigint")
        ).alias("bucket"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    hist = labeled.groupBy("bucket").agg(
        F.sum("y").cast("bigint").alias("n1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n0"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hist.select(
        "bucket",
        F.sum("n1").over(w_cum).cast("bigint").alias("c1"),
        F.sum("n0").over(w_cum).cast("bigint").alias("c0"),
        F.sum("n1").over(w_all).cast("bigint").alias("t1"),
        F.sum("n0").over(w_all).cast("bigint").alias("t0"),
    )
    gains = cum.filter(F.col("bucket") < 9).select(
        (F.col("bucket") + 1).alias("threshold"),
        "c1",
        "c0",
        "t1",
        "t0",
        F.expr(_IG_SQL).alias("ig_e9"),
    )
    return (
        gains.select(
            "threshold",
            "ig_e9",
            (F.col("c1") + F.col("c0")).alias("n_left"),
            ((F.col("t1") - F.col("c1")) + (F.col("t0") - F.col("c0"))).alias(
                "n_right"
            ),
        )
        .orderBy(F.desc("ig_e9"), F.asc("threshold"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# q_itemsets3 — frequent 3-itemsets over BULK co-purchases (the
# Apriori step above q_market_basket's pairs): top-15 brand triples
# among high-quantity lineitems (l_quantity ≥ 45, the bulk tier). The
# quantity gate is the itemset-mining prerequisite made explicit:
# with the fixture's dense 25-brand domain an ungated order basket
# averages ~20 brands, and k-choose-3 fan-out over dense baskets is
# ~1100 triples/order — ~170M triples at sf1, quadratic-cubed garbage
# no Apriori run would tolerate (measured: the ungated oracle ran
# >300s at sf1). Gating to the bulk tier is exactly how production
# basket mining bounds density (min-quantity / min-price gates before
# expansion); baskets drop to ~2-4 items and the fan-out is linear in
# orders at every scale.
#
# The Spark side never self-joins the basket table — each order's
# sorted distinct-brand list expands its ordered triples with THREE
# nested Generate operators (posexplode + two sliced explodes, the
# near_dup_pairs posting-list construction one level deeper); the only
# shuffle is the triple rollup. The oracle states the same semantics
# as the obvious three-way self-join (tractable once gated).
# ---------------------------------------------------------------------------

_ITEMSETS3_ORACLE = """
-- MATERIALIZED is load-bearing: DuckDB re-inlines a plain CTE once per
-- reference, and with three references the planner lost the hash-join-
-- on-ok shape entirely (ungated AND gated versions both ran >300s at
-- sf1; materialized: 5.5s).
WITH ob AS MATERIALIZED (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity >= 45
),
tri AS (
  SELECT a.b AS b1, c.b AS b2, d.b AS b3
  FROM ob a
  JOIN ob c ON c.ok = a.ok AND c.b > a.b
  JOIN ob d ON d.ok = a.ok AND d.b > c.b
)
SELECT b1, b2, b3, count(*) AS n
FROM tri
GROUP BY 1, 2, 3
ORDER BY n DESC, b1, b2, b3
LIMIT 15
"""


@register("q_itemsets3", oracle=_ITEMSETS3_ORACLE)
def q_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (
        li.filter(F.col("l_quantity") >= 45)
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("b")).alias("bs"))
        .filter(F.size("bs") >= 3)
    )
    e1 = baskets.select("bs", F.posexplode("bs").alias("i", "b1"))
    e2 = e1.select(
        "bs",
        "i",
        "b1",
        F.posexplode(F.slice("bs", F.col("i") + 2, F.size("bs"))).alias(
            "j", "b2"
        ),
    )
    tri = e2.select(
        "b1",
        "b2",
        F.explode(
            F.slice("bs", F.col("i") + F.col("j") + 3, F.size("bs"))
        ).alias("b3"),
    )
    return (
        tri.groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "b1", "b2", "b3")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q_weighted_quantile — exact WEIGHTED median: per (returnflag, ship
# year), the smallest price whose cumulative quantity weight reaches
# half the group's total — "the price at which half the shipped UNITS
# (not half the line items) are cheaper". The unweighted median
# (q_group_median / q_latency_percentiles) answers a different question
# whenever weights correlate with value, which is exactly when pricing
# analyses go wrong.
#
# Exactness: weights are exact integer quantities; the cumulative
# window orders by (cents, orderkey, linenumber) — a total order — and
# the defining inequality 2·cumw ≥ totw is pure integer; the answer is
# min(cents) over qualifying rows. No interpolation anywhere.
#
# Scale: ONE shuffle on the group key shared by both windows (the
# cumulative sum and the group total are the same partitioning); group
# count is (3 flags × ~7 years) so per-group sort tasks are fact-sized
# — at 100 TB swap the exact in-group sort for a two-pass histogram
# bracket + exact scan of the winning bucket (same answer; the
# inequality is reused as the bucket predicate).
# ---------------------------------------------------------------------------

_WQ_ORACLE = """
WITH t AS (
  SELECT l_returnflag AS flag,
         CAST(year(l_shipdate) AS INTEGER) AS yr,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_quantity) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
),
cum AS (
  SELECT flag, yr, cents, w,
         CAST(sum(w) OVER (PARTITION BY flag, yr
                           ORDER BY cents, l_orderkey, l_linenumber
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumw,
         CAST(sum(w) OVER (PARTITION BY flag, yr) AS BIGINT) AS totw
  FROM t
)
SELECT flag, yr,
       CAST(min(totw) AS BIGINT)  AS total_weight,
       CAST(min(cents) AS BIGINT) AS wmedian_cents
FROM cum
WHERE 2 * cumw >= totw
GROUP BY 1, 2
"""


@register("q_weighted_quantile", oracle=_WQ_ORACLE)
def q_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 MEASURED REVERT (the q_band_tuning discipline): the documented
    # two-pass histogram bracket was implemented two ways and A/B'd in
    # one session against this window shape — (a) coarse 2^14-cent
    # buckets → winning-bucket broadcast → exact window inside the
    # bucket slice (1.19s), (b) same with the 21-row winner table
    # eagerly collected to a local relation (1.47s), plus (c) a
    # single-pass per-cents histogram (1.21s) — vs 0.76s for this
    # shape, all outputs identical. l_extendedprice cents are
    # near-unique, so a (flag, yr, cents) histogram reduces nothing and
    # every variant just adds exchanges/scans to the same sort volume.
    # The bracket becomes the right shape only when a group's rows stop
    # fitting one sort task (~100 TB); at every tested tier the single
    # group-keyed exchange + in-group sort wins. The rank-contiguity
    # argument that makes the bracket EXACT (weighted median =
    # min{cents : 2·cum_end(cents) ≥ totw}) is proven and kept in
    # q_latency_percentiles/q_winsorized_stats, where the bounded cents
    # domain makes it pay at every scale.
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.year("l_shipdate").cast("int").alias("yr"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("flag", "yr")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = (
        Window.partitionBy("flag", "yr")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cum = t.select(
        "flag",
        "yr",
        "cents",
        F.sum("w").over(w_cum).cast("bigint").alias("cumw"),
        F.sum("w").over(w_tot).cast("bigint").alias("totw"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("flag", "yr")
        .agg(
            F.min("totw").cast("bigint").alias("total_weight"),
            F.min("cents").cast("bigint").alias("wmedian_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q_sample_quantile_audit — quantiles from a deterministic hash sample
# with the error MEASURED (the q_kmv_overlap / q_lsh_recall
# discipline): take the 1,024 orders with the smallest md5(o_orderkey)
# (a uniform, reproducible sample — no RNG, no reservoir state), read
# the sample's discrete median and p90 of order value, and report them
# NEXT TO the exact population quantiles with e6 relative errors. This
# is the scalable quantile pattern at 100 TB — the min-k sample is
# mergeable (union, keep k smallest) exactly like the KMV sketch, so a
# cluster computes it map-side in one pass — and the audit answers the
# only question that matters: how wrong is it on THIS data.
#
# Exactness: sample membership is a rank over md5 hashes (total order,
# hash ties broken by the key itself); quantiles are DISCRETE — the
# element at integer rank ceil(q·n) — never interpolated; errors are
# e6 integer arithmetic over exact cents.
#
# Scale: the sample side is one top-k (TakeOrdered-shaped, map-side
# partial); the exact side is the full sort this key exists to avoid —
# kept here as the audit truth, dropped in production.
# ---------------------------------------------------------------------------

_SQA_K = 1024

_SQA_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         md5(CAST(o_orderkey AS VARCHAR)) AS h
  FROM orders
),
samp AS (
  SELECT cents FROM
    (SELECT cents, row_number() OVER (ORDER BY h, o_orderkey) AS rk FROM o)
  WHERE rk <= {_SQA_K}
),
sq AS (
  SELECT max(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT) THEN cents END)
           AS med_sample,
         max(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT) THEN cents END)
           AS p90_sample
  FROM (SELECT cents,
               row_number() OVER (ORDER BY cents) AS rk,
               count(*) OVER () AS n
        FROM samp)
),
eq AS (
  SELECT max(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT) THEN cents END)
           AS med_exact,
         max(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT) THEN cents END)
           AS p90_exact
  FROM (SELECT cents,
               row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
               count(*) OVER () AS n
        FROM o)
)
SELECT sq.med_sample, eq.med_exact,
       abs(sq.med_sample - eq.med_exact) * 1000000 // eq.med_exact
         AS med_err_e6,
       sq.p90_sample, eq.p90_exact,
       abs(sq.p90_sample - eq.p90_exact) * 1000000 // eq.p90_exact
         AS p90_err_e6
FROM sq CROSS JOIN eq
"""


@register("q_sample_quantile_audit", oracle=_SQA_ORACLE)
def q_sample_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.md5(F.col("o_orderkey").cast("string").cast("binary")).alias("h"),
    )
    samp = (
        o.withColumn(
            "rk", F.row_number().over(Window.orderBy("h", "o_orderkey"))
        )
        .filter(F.col("rk") <= _SQA_K)
        .select("cents")
    )

    def disc_quantiles(df: DataFrame, order_cols) -> DataFrame:
        w = Window.orderBy(*order_cols)
        w_all = Window.orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        ranked = df.select(
            "cents",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        return ranked.agg(
            F.max(
                F.when(
                    F.col("rk") == F.ceil(F.col("n") * 0.5).cast("bigint"),
                    F.col("cents"),
                )
            ).alias("q50"),
            F.max(
                F.when(
                    F.col("rk") == F.ceil(F.col("n") * 0.9).cast("bigint"),
                    F.col("cents"),
                )
            ).alias("q90"),
        )

    sq = disc_quantiles(samp, ["cents"]).select(
        F.col("q50").alias("med_sample"), F.col("q90").alias("p90_sample")
    )
    eq = disc_quantiles(
        o.select("cents", "o_orderkey"), ["cents", "o_orderkey"]
    ).select(F.col("q50").alias("med_exact"), F.col("q90").alias("p90_exact"))
    return sq.crossJoin(eq).select(
        "med_sample",
        "med_exact",
        F.expr(
            "abs(med_sample - med_exact) * 1000000 div med_exact"
        ).alias("med_err_e6"),
        "p90_sample",
        "p90_exact",
        F.expr(
            "abs(p90_sample - p90_exact) * 1000000 div p90_exact"
        ).alias("p90_err_e6"),
    )


# ---------------------------------------------------------------------------
# q_winsorized_stats — winsorized mean and variance per event type:
# clamp values to the exact rank-based [p5, p95] elements, then take
# moments. The third member of the robust trio — q_trimmed_mean DROPS
# the tails, winsorizing CLAMPS them (keeps n, bounds influence), the
# raw q_stats keeps everything — and the one ML preprocessing actually
# ships as "feature clipping". Reporting all three lets a feature owner
# read how much tail influence each choice removes.
#
# Exactness: p5/p95 are exact elements picked by integer rank over the
# (cents, event_id) total order per type; clamped sums/squares are
# exact BIGINTs (clamped |v| ≤ p95 keeps Σv² far under overflow); the
# variance is one fixed-parenthesization double over exact integers.
#
# Scale: one rank window per event type (the same shape as every
# exact-percentile key; approx boundaries at 100 TB per
# q_rfm_segments' documented swap), then a map-side clamp + rollup.
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH t AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rk,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM t
),
bounds AS (
  SELECT event_type,
         max(CASE WHEN rk = greatest(1, (n * 5) // 100) THEN cents END)
           AS lo,
         max(CASE WHEN rk = least(n, (n * 95) // 100 + 1) THEN cents END)
           AS hi
  FROM r GROUP BY 1
),
clamped AS (
  SELECT r.event_type,
         least(greatest(r.cents, b.lo), b.hi) AS v,
         r.n
  FROM r JOIN bounds b ON b.event_type = r.event_type
)
SELECT event_type,
       CAST(min(n) AS BIGINT) AS n_events,
       CAST(min(v) AS BIGINT) AS lo_cents,
       CAST(max(v) AS BIGINT) AS hi_cents,
       CAST(sum(v) // count(*) AS BIGINT) AS winsor_mean_cents,
       CAST(floor((CAST(sum(v * v) AS DOUBLE)
                   - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE))
            AS BIGINT) AS winsor_var_cents2
FROM clamped
GROUP BY 1
"""


@register("q_winsorized_stats", oracle=_WINSOR_ORACLE)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Histogram form (models.cents_histogram): bounds are rank picks over
    # the histogram and the moments are exact integer folds of the
    # per-bucket counts (sum(v) = Σ c·clamp(cents)); no event-stream sort.
    h = models.cents_histogram(load_table(spark, sf_dir, "events"))
    w_all = Window.partitionBy("event_type")
    r_lo = F.greatest(F.lit(1).cast("bigint"), F.expr("(n * 5) div 100"))
    r_hi = F.least(F.col("n"), F.expr("(n * 95) div 100 + 1"))
    b = h.select(
        "event_type",
        "cents",
        "c",
        "n",
        models.cents_at_rank(r_lo).over(w_all).alias("lo"),
        models.cents_at_rank(r_hi).over(w_all).alias("hi"),
    )
    v = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    clamped = b.select(
        "event_type", "n", "c", v.alias("v")
    )
    return clamped.groupBy("event_type").agg(
        F.min("n").cast("bigint").alias("n_events"),
        F.min("v").cast("bigint").alias("lo_cents"),
        F.max("v").cast("bigint").alias("hi_cents"),
        F.expr("cast(sum(c * v) div sum(c) as bigint)").alias(
            "winsor_mean_cents"
        ),
        F.floor(
            (
                F.sum(F.col("c") * F.col("v") * F.col("v")).cast("double")
                - F.sum(F.col("c") * F.col("v")).cast("double")
                * F.sum(F.col("c") * F.col("v")).cast("double")
                / F.sum("c").cast("double")
            )
            / F.sum("c").cast("double")
        )
        .cast("bigint")
        .alias("winsor_var_cents2"),
    )
