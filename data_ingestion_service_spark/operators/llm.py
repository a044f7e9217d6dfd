"""LLM-training-data pipeline operators (SURVEY.md §2.10; mandated by
BASELINE.json:6): deduplication, similarity search, text analysis,
multimodal column handling.

Scale notes (the whole point of these operators):
  - exact dedup: hash-groupBy on a content digest — one shuffle keyed by
    md5(text); at 100 TB the digest (16B) shuffles, never the text.
  - near-dedup: shingle inverted index → per-shingle posting-list pair
    expansion → Jaccard. Only documents *sharing* a shingle ever pair —
    the classic candidate-pair pruning — and the posting-list expansion
    needs ONE pass over the index (a self-join would compute it per
    side). At 100 TB you'd add MinHash banding first (q_minhash_pairs);
    this is the exact verifier stage of that same pipeline.
  - kNN: brute-force cosine against a broadcast probe — embarrassingly
    parallel scan + TakeOrderedAndProject top-k. The grouped variant
    shows the blocked/partitioned pattern (rank within label partitions)
    that IVF-style pruning builds on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_service_spark.catalog import load_table
from data_ingestion_service_spark.functions.text import shingle_rows, token_count, tokens
from data_ingestion_service_spark.functions.vector import as_double, cosine
from data_ingestion_service_spark.registry import register
from data_ingestion_service_spark.session import session_persisted

# ---------------------------------------------------------------------------
# q_dedup_docs — exact dedup by content hash (one summary row).
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT
  count(*)                                  AS n_docs,
  count(DISTINCT md5(text))                 AS n_unique,
  count(*) - count(DISTINCT md5(text))      AS n_dupes
FROM documents
"""


@register("q_dedup_docs", oracle=_DEDUP_ORACLE)
def q_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col("text").cast("binary")))).alias(
            "n_dupes"
        ),
    )


# ---------------------------------------------------------------------------
# q_near_dedup — n-gram (3-shingle) Jaccard similarity pairs via inverted-
# index self-join. Returns candidate pairs above the threshold.
# ---------------------------------------------------------------------------

_NEAR_DEDUP_THRESHOLD = 0.25

# Posting lists longer than this are stop-listed (k² pair-blow-up guard).
_HOT_SHINGLE_CAP = 64

_NEAR_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
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
sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  -- mirror the Spark side's hot-shingle posting-list cap so the two
  -- definitions stay identical at ANY scale (ADVICE r6)
  WHERE a.shingle IN (SELECT shingle FROM sh
                      GROUP BY shingle
                      HAVING count(DISTINCT doc_id) <= {_HOT_SHINGLE_CAP})
  GROUP BY a.doc_id, b.doc_id
)
SELECT
  p.doc_a,
  p.doc_b,
  round(p.n_common * 1.0 / (sa.sz + sb.sz - p.n_common), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.n_common * 1.0 / (sa.sz + sb.sz - p.n_common) >= {_NEAR_DEDUP_THRESHOLD}
"""




def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW (doc_id, 3-shingle) rows — the input every member of the dedup
    family starts from (q_near_dedup, q_minhash_pairs, q_fingerprint,
    q_dup_clusters via near_dup_pairs). Built ONCE per (session, sf) and
    session-persisted: four consumers probing one materialized table
    beats four re-runs of the explode pipeline.

    Deliberately NOT distinct'd: within-doc duplicate shingles are <0.2%
    of rows here, so a .distinct() is a full shuffle that removes almost
    nothing. Consumers must therefore be duplicate-blind (MIN) or dedup
    inside their own aggregation, where it is free (posting lists use
    collect_set; sizes use countDistinct). Skipping it keeps the persist a pipelined
    map-only pass (measured 2.3× faster cold at sf0.1).

    The docs scan is repartitioned to the cluster's parallelism first:
    the fixture is a single parquet file → one input split, so without
    this the expensive explode map stage runs in ONE task (the round-3
    verdict's one perf defect — cold q_minhash_pairs/q_near_dedup were
    ~4-5s of single-core shingling). The repartition shuffles only the
    small raw docs table, then shingling runs cluster-wide. At 100 TB
    the corpus arrives in thousands of splits and the repartition is a
    cheap no-op-shaped rebalance; the persist would become a parquet
    staging table, same topology.
    """
    par = spark.sparkContext.defaultParallelism
    return session_persisted(
        spark,
        ("doc_shingles", sf_dir),
        lambda: shingle_rows(
            load_table(spark, sf_dir, "documents").repartition(par), 3
        ),
    )


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard>=threshold candidate pairs (doc_a < doc_b) — shared by
    q_near_dedup (which reports them) and q_dup_clusters (which runs
    connected components over them).

    The result is persisted and cached per (session, sf) via the shared
    registry: it is the pair *index* (a few hundred tiny rows), built
    once and probed by every downstream dedup stage — exactly how a
    production pipeline treats it. (Round 3 note: the shingle pipeline
    used to be deliberately unpersisted because materializing it blocked
    the pipelined explode in ONE task; with the repartition in
    doc_shingles the build is cluster-wide and sharing it across the
    four consumers wins — re-measured this round.) Since the round-6
    threshold-sweep key it derives from the scored_pairs store below,
    which is persisted PRE-FILTERED at the family floor
    (_SCORED_PAIRS_MIN_T_E4 / 1e4 = 0.10) — a superset of every
    consumer's cut, NOT of all candidate pairs. Any new consumer that
    wants to cut below 0.10 must lower the floor constant first; guard
    your threshold against it at import time the way
    q_dedup_threshold_sweep does (corpus_dedup, persist-floor check)."""
    jac = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return session_persisted(
        spark,
        ("near_dup_pairs", sf_dir),
        lambda: scored_pairs(spark, sf_dir)
        .filter(jac >= _NEAR_DEDUP_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")),
    )


# The LOWEST Jaccard any scored_pairs consumer ever cuts at:
# near_dup_pairs uses 0.25, band-tuning truth 0.25, the threshold
# sweep's lowest rung 0.10. Persisting the store pre-filtered at this
# floor keeps it near-dup-density-sized: at sf0.1 the UNFILTERED
# candidate set is 1.13M pairs of which 260 clear 0.10 — a 4,000×
# smaller persist for identical consumer outputs. A sweep rung below
# 0.10 would silently read a truncated store, so the sweep module
# asserts its min threshold against this constant at import time.
_SCORED_PAIRS_MIN_T_E4 = 1000


def scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs at Jaccard >= _SCORED_PAIRS_MIN_T_E4/1e4 (under
    the hot-shingle cap) with their shingle-overlap sufficient
    statistics (n_common, sz_a, sz_b) — the shared base near_dup_pairs
    (>= 0.25), q_dedup_threshold_sweep (0.1 … 0.9), q_band_tuning's
    truth set, and q_dup_quality_bias all cut from. Session-persisted;
    the posting-list expansion that produces it runs once per
    (session, sf) for the whole family, and the store itself stays
    near-dup-density-sized (see _SCORED_PAIRS_MIN_T_E4)."""
    return session_persisted(
        spark,
        ("scored_pairs", sf_dir),
        lambda: _scored_pairs_fresh(spark, sf_dir),
    )


def _scored_pairs_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir)
    # countDistinct, not count: sh carries raw rows (see doc_shingles).
    sizes = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("sz"))
    # Candidate pairs WITHOUT a self-join: group doc_ids per shingle and
    # expand each posting list's ordered pairs with array HOFs. One pass
    # over the shingle pipeline and one shuffle (by shingle) instead of
    # re-computing the index per join side (self-join dedup blocks
    # exchange reuse).
    #
    # Hot-shingle stop-list: a shingle shared by k docs emits k(k-1)/2
    # pairs — one viral boilerplate line at 100 TB would otherwise emit
    # billions of pairs from a single reduce key (unbounded k² skew).
    # Shingles above the cap are treated as non-discriminative and
    # dropped, exactly like stopwords in production MinHash pipelines.
    # The cap is far above the fixture's max posting list (7 at sf0.01,
    # 25 at sf0.1 — pinned by test_hot_shingle_cap_inactive), so the
    # oracle-checked result set is unchanged at tested scales.
    grouped = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") <= _HOT_SHINGLE_CAP) & (F.size("ds") >= 2))
    )
    # Ordered-pair expansion as TWO nested Generate operators
    # (posexplode + explode(slice)) — both stay inside whole-stage
    # codegen, vs the interpreted higher-order transform/flatten lambda
    # building array<struct> (measured 2.3× slower at sf0.1 for the same
    # 1.1M pair rows).
    e1 = grouped.select("ds", F.posexplode("ds").alias("i", "doc_a"))
    pairs = (
        e1.select(
            "doc_a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        # persist floor: pure-integer Jaccard >= min consumer threshold
        .filter(
            F.col("n_common") * 10000
            >= _SCORED_PAIRS_MIN_T_E4
            * (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.col("sz_b").cast("bigint").alias("sz_b"),
        )
    )


@register("q_near_dedup", oracle=_NEAR_DEDUP_ORACLE)
def q_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# q_knn_self — brute-force cosine top-10 neighbors of probe vector 0.
# Both engines compute the dot product in f64 over identical f32 inputs in
# the same sequential order → bit-identical before rounding.
# ---------------------------------------------------------------------------

_KNN_ORACLE = """
WITH probe AS (
  SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0
)
SELECT
  e.vec_id,
  round(list_cosine_similarity(e.embedding::DOUBLE[], probe.p), 4) AS cos_sim
FROM embeddings e, probe
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
"""


@register("q_knn_self", oracle=_KNN_ORACLE)
def q_knn_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("p")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("p")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_knn_grouped — top-3 neighbors of the probe within each label block
# (the blocked/partitioned pruning pattern for scale).
# ---------------------------------------------------------------------------

_KNN_GROUPED_ORACLE = """
WITH probe AS (
  SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT
    e.label,
    e.vec_id,
    round(list_cosine_similarity(e.embedding::DOUBLE[], probe.p), 4) AS cos_sim
  FROM embeddings e, probe
  WHERE e.vec_id <> 0
)
SELECT label, vec_id, cos_sim, rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
)
WHERE rnk <= 3
"""


@register("q_knn_grouped", oracle=_KNN_GROUPED_ORACLE)
def q_knn_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(as_double("embedding").alias("p"))
    w = Window.partitionBy("label").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "label",
            "vec_id",
            F.round(cosine(as_double("embedding"), F.col("p")), 4).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# q_doc_tokens — text analysis: token counting + length stats per language.
# ---------------------------------------------------------------------------

_DOC_TOKENS_ORACLE = """
SELECT
  lang,
  count(*)                                      AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  round(avg(len(string_split(text, ' '))), 4)   AS avg_tokens,
  round(avg(n_chars), 4)                        AS avg_chars,
  max(n_chars)                                  AS max_chars
FROM documents
GROUP BY lang
"""


@register("q_doc_tokens", oracle=_DOC_TOKENS_ORACLE)
def q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("total_tokens"),
        F.round(F.avg(n_tok), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# q_quality_score — per-document quality heuristics (length bounds,
# stopword ratio, mean token length) — the standard pre-training filters.
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = """
SELECT
  doc_id,
  len(string_split(text, ' '))::BIGINT AS n_tokens,
  n_chars,
  round(len(list_filter(string_split(text, ' '),
                        w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
        / len(string_split(text, ' ')), 4)                        AS stopword_ratio,
  round(n_chars * 1.0 / len(string_split(text, ' ')), 4)          AS mean_token_len,
  CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END        AS len_ok
FROM documents
"""


@register("q_quality_score", oracle=_QUALITY_ORACLE)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        "n_chars",
        F.round(stop / n_tok, 4).alias("stopword_ratio"),
        F.round(F.col("n_chars") / n_tok, 4).alias("mean_token_len"),
        F.when(F.col("n_chars").between(200, 5000), 1).otherwise(0).alias("len_ok"),
    )


# ---------------------------------------------------------------------------
# q_tf_top_terms — corpus-wide term frequency, top 15.
# ---------------------------------------------------------------------------

_TF_ORACLE = """
SELECT term, count(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term <> ''
GROUP BY term
ORDER BY freq DESC, term
LIMIT 15
"""


@register("q_tf_top_terms", oracle=_TF_ORACLE)
def q_tf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q_docs_with_embeddings — multimodal column join: text + vector + metadata
# in one row (documents ⋈ embeddings on id).
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT
  d.doc_id,
  d.lang,
  d.source,
  d.n_chars,
  e.label,
  round(list_aggregate(e.embedding::DOUBLE[], 'sum'), 4) AS emb_sum
FROM documents d
JOIN embeddings e ON d.doc_id = e.vec_id
"""


@register("q_docs_with_embeddings", oracle=_MULTIMODAL_ORACLE)
def q_docs_with_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, F.col("doc_id") == F.col("vec_id")).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.round(
            F.aggregate(as_double("embedding"), F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("emb_sum"),
    )
